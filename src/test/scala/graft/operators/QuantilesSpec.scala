package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bit-for-bit equivalence of [[Quantiles.discPicks]] against Spark's own
  * `percentile_disc` — the property the q22_percentiles / table_profile
  * restructure stands on. PercentileDisc's index is DOUBLE arithmetic
  * (`ceil(n.toDouble * p)`), so the adversarial surface is (n, p) pairs
  * where n*p lands on (or a half-ulp off) an integer: the classic case is
  * n=10, p=0.9 -> 9.000000000000002, where a naive exact-rational index
  * (ceil_int(9) = 9) picks a DIFFERENT row than Spark (ceil(9.000...2) =
  * 10). The generator below therefore sweeps every group size 1..60
  * against percentages of the k/m form plus the q22/table_profile
  * production ps, on long and double values with heavy duplication,
  * negatives, and >2^53 magnitudes (the long->double cast-loss case).
  */
class QuantilesSpec extends SparkSpec {

  private val ps: Seq[(String, Double)] = Seq(
    "p000" -> 0.0, "p025" -> 0.25, "p033" -> (1.0 / 3.0), "p050" -> 0.5,
    "p070" -> 0.7, "p090" -> 0.9, "p095" -> 0.95, "p099" -> 0.99,
    "p100" -> 1.0)

  /** Deterministic pseudo-random corpus: ~170 groups covering every size
    * 1..60 plus heavy-dup and extreme-value groups. One DataFrame = one
    * Spark job per engine, hundreds of independent (n, p) trials.
    */
  private def longCorpus: Seq[(Int, Long)] = {
    val rnd = new scala.util.Random(20250818L)
    val rows = Seq.newBuilder[(Int, Long)]
    var g = 0
    // every size 1..60, duplicate-heavy small domain (ties across the cut)
    (1 to 60).foreach { n =>
      rows ++= (0 until n).map(_ => (g, rnd.nextInt(7).toLong)); g += 1
    }
    // every size 1..60, wide domain with negatives
    (1 to 60).foreach { n =>
      rows ++= (0 until n).map(_ => (g, rnd.nextLong() % 1000000L)); g += 1
    }
    // sizes that make n*p integral for the ps above
    Seq(4, 8, 10, 20, 40, 100, 200, 300).foreach { n =>
      rows ++= (0 until n).map(i => (g, (i % 13).toLong)); g += 1
    }
    // >2^53 magnitudes: the long->double toDoubleValue loss must match
    Seq(5, 10, 33).foreach { n =>
      rows ++= (0 until n).map(_ =>
        (g, (1L << 53) + rnd.nextLong() % (1L << 20))); g += 1
      rows ++= (0 until n).map(_ =>
        (g, Long.MaxValue - rnd.nextInt(3))); g += 1
    }
    rows.result()
  }

  private def compare(df: DataFrame, castType: String): Unit = {
    val typed = df.select(col("g"), col("v").cast(castType).as("v"))
    val specs = ps.map { case (n, p) => (n, "v", p) }
    val theirsAggs = ps.map { case (n, p) =>
      expr(s"percentile_disc(CAST('$p' AS DOUBLE)) WITHIN GROUP (ORDER BY v)")
        .as(n)
    }
    val theirs = typed.groupBy(col("g")).agg(theirsAggs.head, theirsAggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r).toMap
    def check(ours: Map[Int, org.apache.spark.sql.Row]): Unit = {
      assert(ours.keySet === theirs.keySet)
      ours.foreach { case (g, mine) =>
        val ref = theirs(g)
        ps.indices.foreach { i =>
          val a = mine.get(i + 1); val b = ref.get(i + 1)
          val same = (a == null && b == null) || (a != null && b != null &&
            java.lang.Double.doubleToLongBits(a.asInstanceOf[Double]) ==
              java.lang.Double.doubleToLongBits(b.asInstanceOf[Double]))
          assert(same, s"group $g ${ps(i)._1}: ours=$a theirs=$b")
        }
      }
    }
    check(Quantiles.discPicks(typed, Seq("g"), specs)
      .collect().map(r => r.getInt(0) -> r).toMap)
    // partitioning independence: same picks from any physical layout
    check(Quantiles.discPicks(typed.repartition(7), Seq("g"), specs)
      .collect().map(r => r.getInt(0) -> r).toMap)
  }

  test("discPicks == percentile_disc bit-for-bit on adversarial (n, p) " +
      "pairs, long values, any partitioning") {
    import spark.implicits._
    compare(longCorpus.toDF("g", "v"), "long")
  }

  test("discPicks == percentile_disc bit-for-bit, double values " +
      "(fractional and >2^53)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    val doubles = longCorpus.map { case (g, v) =>
      (g, v.toDouble / 4.0 + (if (rnd.nextBoolean()) 0.1 else 0.0))
    }
    compare(doubles.toDF("g", "v"), "double")
  }

  test("discPicks: all-null and mixed-null columns match percentile_disc's " +
      "null skipping; multi-column melt keeps columns independent") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Long, java.lang.Long)](
      (0, 1L, null), (0, 2L, null), (0, 3L, null),
      (1, null, 5L), (1, 10L, 6L), (1, 20L, 7L),
      (2, 4L, 4L)).toDF("g", "a", "b")
    val ours = Quantiles.discPicks(df, Seq("g"),
        Seq(("a50", "a", 0.5), ("b90", "b", 0.9)))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap
    val ref = df.groupBy(col("g")).agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY a)").as("a50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY b)").as("b90"))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2))).toMap
    assert(ours === ref)
  }

  test("discPicks rowCountCol: n == count(*) with nulls, picks unchanged, " +
      "all-null groups present with null picks and exact counts") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Long, java.lang.Long)](
      (0, 1L, null), (0, 2L, null), (0, null, null),
      (1, null, 5L), (1, 10L, 6L), (1, 20L, 7L), (1, null, null),
      (2, null, null), (2, null, null),
      (3, 4L, 4L)).toDF("g", "a", "b")
    val ours = Quantiles.discPicks(df, Seq("g"),
        Seq(("a50", "a", 0.5), ("b90", "b", 0.9)), rowCountCol = Some("n"))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    val ref = df.groupBy(col("g")).agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY a)").as("a50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY b)").as("b90"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.get(1), r.get(2), r.get(3))).toMap
    assert(ours === ref)
    // adversarial corpus too: count and every pick equal the aggregate's
    val big = longCorpus.toDF("g", "v")
    val specs = ps.map { case (n, p) => (n, "v", p) }
    val mine = Quantiles.discPicks(big, Seq("g"), specs, Some("nn"))
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    val aggs = ps.map { case (n, p) =>
      expr(s"percentile_disc(CAST('$p' AS DOUBLE)) WITHIN GROUP (ORDER BY v)")
        .as(n) } :+ count(lit(1)).as("nn")
    val thr = big.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    assert(mine === thr)
  }

  test("discPicks sibling aggregates (maxCols/weightedSums) equal their " +
      "plain-aggregate counterparts on the adversarial long corpus") {
    import spark.implicits._
    val df = longCorpus.toDF("g", "v")
    val ours = Quantiles.discPicks(df, Seq("g"),
        Seq(("p50", "v", 0.5)), rowCountCol = Some("n"),
        maxCols = Seq(("vmax", "v")),
        weightedSums = Seq(("vsum", "v", "decimal(38,0)")))
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    val ref = df.groupBy(col("g")).agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
        count(lit(1)).as("n"), max(col("v")).as("vmax"),
        sum(col("v").cast("decimal(38,0)")).as("vsum"))
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    assert(ours === ref)
  }

  test("discPicks sibling aggregates: null counts, maxes over a non-spec " +
      "column, NaN values and all-null groups match the plain aggregates") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Double, java.lang.Double)](
      (0, 1.5, 2.0), (0, null, 3.0), (0, 2.5, null),
      (1, null, null), (1, null, 7.0),
      (2, Double.NaN, 1.0), (2, 4.0, Double.NaN), (2, 4.0, 0.5),
      (3, -0.5, null)).toDF("g", "a", "b")
    val ours = Quantiles.discPicks(df, Seq("g"),
        Seq(("a50", "a", 0.5), ("a90", "a", 0.9)),
        rowCountCol = Some("n"),
        maxCols = Seq(("amax", "a"), ("bmax", "b")),
        nullCountCols = Seq(("anull", "a"), ("bnull", "b")))
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    val ref = df.groupBy(col("g")).agg(
        expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY a)").as("a50"),
        expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY a)").as("a90"),
        count(lit(1)).as("n"), max(col("a")).as("amax"),
        max(col("b")).as("bmax"),
        sum(when(col("a").isNull, 1L).otherwise(0L)).as("anull"),
        sum(when(col("b").isNull, 1L).otherwise(0L)).as("bnull"))
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    def bits(x: Any): Any = x match {
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    assert(ours.keySet === ref.keySet)
    ours.foreach { case (g, mine) =>
      assert(mine.map(bits) === ref(g).map(bits), s"group $g")
    }
  }

  test("discPicks bucketed two-level cumulative: bit-equal through every " +
      "bucket count on boundary-adversarial distributions") {
    import spark.implicits._
    // distributions chosen to stress the range-bucketing specifically:
    // clusters far apart (most buckets empty), near-unique values (one
    // value per bucket boundary), ±Infinity endpoints (degenerate span),
    // single-value groups (span 0), and >2^53 longs (bucket map's double
    // cast collapses neighbors into one bucket — within-bucket order must
    // recover the exact rank)
    val rnd = new scala.util.Random(77L)
    val rows = Seq.newBuilder[(Int, Double)]
    rows ++= (0 until 200).map(_ => (0, rnd.nextInt(3) - 1e9)) // cluster lo
    rows ++= (0 until 200).map(_ => (0, rnd.nextInt(3) + 1e9)) // cluster hi
    rows ++= (0 until 500).map(i => (1, i.toDouble))           // near-unique
    rows ++= Seq((2, Double.NegativeInfinity), (2, 1.0), (2, 2.0),
      (2, Double.PositiveInfinity), (2, Double.NaN))
    rows ++= Seq((3, 42.0), (3, 42.0), (3, 42.0))              // span 0
    rows ++= Seq((4, Double.NaN), (4, Double.NaN))             // all-NaN
    rows ++= (0 until 60).map(_ =>
      (5, ((1L << 53) + rnd.nextInt(1 << 20)).toDouble))       // >2^53
    val df = rows.result().toDF("g", "v")
    val specs = ps.map { case (n, p) => (n, "v", p) }
    val aggs = ps.map { case (n, p) =>
      expr(s"percentile_disc(CAST('$p' AS DOUBLE)) WITHIN GROUP (ORDER BY v)")
        .as(n) }
    val ref = df.groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
    def bits(x: Any): Any = x match {
      case d: java.lang.Double => java.lang.Double.doubleToLongBits(d)
      case other => other
    }
    Seq(1, 2, 3, 7, 64).foreach { nb =>
      val ours = Quantiles.discPicks(df, Seq("g"), specs, buckets = nb)
        .collect().map(r => r.getInt(0) -> r.toSeq.drop(1)).toMap
      assert(ours.keySet === ref.keySet, s"buckets=$nb")
      ours.foreach { case (g, mine) =>
        assert(mine.map(bits) === ref(g).map(bits), s"buckets=$nb group $g")
      }
    }
  }

  test("discPicks: global (no group columns) returns one row, equal to the " +
      "global percentile_disc") {
    import spark.implicits._
    val df = longCorpus.toDF("g", "v").drop("g")
    val ours = Quantiles.discPicks(df, Seq.empty,
      Seq(("p50", "v", 0.5), ("p99", "v", 0.99))).collect()
    val ref = df.agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
      expr("percentile_disc(0.99) WITHIN GROUP (ORDER BY v)").as("p99"))
      .collect()
    assert(ours.length == 1 && ours(0) === ref(0))
  }

  test("discPicks refuses a string value column instead of ranking it by " +
      "its double cast") {
    import spark.implicits._
    // "10" < "9" as strings but 10.0 > 9.0 as doubles: a string column
    // would be bucketed by a non-monotonic map and picked wrong
    val df = Seq((0, "9"), (0, "10"), (0, "11")).toDF("g", "v")
    val e = intercept[IllegalArgumentException] {
      Quantiles.discPicks(df, Seq("g"), Seq(("p50", "v", 0.5)))
    }
    assert(e.getMessage.contains("numeric or timestamp"), e.getMessage)
  }

  test("discPicks refuses a bucket count whose NaN bucket (nb + 1) " +
      "overflows Int; the largest accepted count stays exact") {
    import spark.implicits._
    val df = Seq((0, 3.0), (0, Double.NaN), (0, 1.0), (0, 2.0), (0, 2.0))
      .toDF("g", "v")
    val specs = Seq(("p50", "v", 0.5), ("p100", "v", 1.0))
    intercept[IllegalArgumentException] {
      Quantiles.discPicks(df, Seq("g"), specs, buckets = Int.MaxValue)
    }
    val ref = df.groupBy(col("g")).agg(
      expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY v)").as("p50"),
      expr("percentile_disc(1.0) WITHIN GROUP (ORDER BY v)").as("p100"))
      .collect()
    val ours = Quantiles.discPicks(df, Seq("g"), specs,
      buckets = Int.MaxValue - 1).collect()
    assert(ours.toSeq.map(_.toString) === ref.toSeq.map(_.toString))
  }
}
