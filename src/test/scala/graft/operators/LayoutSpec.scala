package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.InterleaveBits
import graft.SparkSpec

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("interleave matches a per-bit reference and is order-preserving per quadrant") {
    def reference(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 31)
        z |= (((a >> i) & 1L) << (2 * i)) | (((b >> i) & 1L) << (2 * i + 1))
      z
    }
    val probes = Seq(
      (0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L),
      (0x7fffffffL, 0x7fffffffL), (12345L, 67890L), (-1L, 5L))
    for ((a, b) <- probes)
      assert(InterleaveBits.interleave(a, b) === reference(a, b), s"($a, $b)")
    // low half of both dims sorts before high half of both dims
    assert(InterleaveBits.interleave(3, 3) < InterleaveBits.interleave(4, 4))
  }

  test("zOrderKey evaluates in codegen over a DataFrame") {
    val got = Seq((3L, 5L)).toDF("a", "b")
      .select(Layout.zOrderKey(col("a"), col("b")).as("z")).as[Long].head()
    // 3 = 0b11 spread to 0b0101; 5 = 0b101 spread to 0b010001, shifted left 1
    assert(got === (InterleaveBits.spread(3) | (InterleaveBits.spread(5) << 1)))
    assert(got === 0x27L) // 0b100111: bits a0,a1 at 0,2; b0,b2 at 1,5
  }

  test("hilbert index round-trips the public d→xy inverse walk; consecutive " +
      "cells are always adjacent (no z-seam jumps)") {
    import org.apache.spark.sql.graft.HilbertIndex
    // independent inverse (d2xy), written from the published algorithm
    def d2xy(d: Long): (Long, Long) = {
      var (x, y) = (0L, 0L)
      var t = d
      var s = 1L
      while (s < (1L << 31)) {
        val rx = 1L & (t / 2)
        val ry = 1L & (t ^ rx)
        if (ry == 0) {
          if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
          val tmp = x; x = y; y = tmp
        }
        x += s * rx
        y += s * ry
        t /= 4
        s <<= 1
      }
      (x, y)
    }
    val rnd = new scala.util.Random(7)
    val ds = (0L until 256L) ++ Seq.fill(200)(math.abs(rnd.nextLong()) % (1L << 62))
    ds.foreach { d =>
      val (x, y) = d2xy(d)
      assert(HilbertIndex.index(x, y) === d, s"d=$d -> ($x, $y)")
    }
    // the defining Hilbert property on the reference: consecutive d are
    // neighboring cells — Manhattan distance exactly 1, never a diagonal
    // or a jump (Z-order violates this at every quadrant seam)
    (0L until 1023L).foreach { d =>
      val (x1, y1) = d2xy(d)
      val (x2, y2) = d2xy(d + 1)
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L, s"d=$d")
    }
    // DataFrame/codegen path agrees with the driver implementation
    val got = Seq((12345L, 67890L)).toDF("a", "b")
      .select(Layout.hilbertKey(col("a"), col("b")).as("h")).as[Long].head()
    assert(got === HilbertIndex.index(12345L, 67890L))
  }

  /** A clustered write's layout: range-partitioned on the key into
    * `numFiles` slices, each sorted by it. */
  private def clustered(df: org.apache.spark.sql.DataFrame,
      key: org.apache.spark.sql.Column, numFiles: Int) =
    df.repartitionByRange(numFiles, key).sortWithinPartitions(key)

  test("Hilbert-key clustering packs each output slice into a compact rectangle") {
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x, y))
      .toDF("x", "y")
    val sliced = clustered(grid, Layout.hilbertKey(col("x"), col("y")), 16)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"),
        count(lit(1)).as("n"))
      .as[(Int, Int, Int, Long)].collect()
    assert(sliced.length === 16)
    assert(sliced.forall(s => s._4 >= 32 && s._4 <= 128), sliced.mkString(","))
    val compact = sliced.count(s => s._2 <= 15 && s._3 <= 15)
    assert(compact >= 13, sliced.mkString(","))
  }

  test("zorder clustering packs each output slice into a small rectangle") {
    // 32x32 grid of points, 16 output files: a z-sorted layout should give
    // every slice a bounding box far smaller than the full grid, so a
    // predicate on either x or y can skip most files via min/max stats.
    val grid = (for { x <- 0 until 32; y <- 0 until 32 } yield (x, y))
      .toDF("x", "y")
    val sliced = clustered(grid, Layout.zOrderKey(col("x"), col("y")), 16)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid")
      .agg((max("x") - min("x")).as("dx"), (max("y") - min("y")).as("dy"),
        count(lit(1)).as("n"))
      .as[(Int, Int, Int, Long)].collect()
    assert(sliced.length === 16)
    // balanced slices (range partitioner samples the z keys)
    assert(sliced.forall(s => s._4 >= 32 && s._4 <= 128), sliced.mkString(","))
    // nearly every slice's bounding box covers at most half of each axis —
    // a lexicographic (x, y) sort would leave dy = 31 for EVERY slice. (A
    // slice whose sampled range bound straddles the top-level z boundary
    // can span a full axis; with 16 slices that's at most 1–2 of them.)
    val compact = sliced.count(s => s._2 <= 15 && s._3 <= 15)
    assert(compact >= 13, sliced.mkString(","))
  }

  test("curriculumShards: quartile bands match the sorted-order ntile on " +
      "distinct scores, boundary scores go to the LOWER shard, and the " +
      "assignment is repartition-invariant") {
    import spark.implicits._
    // scores 1..100 (distinct): exact quartile cuts 25/50/75
    val df = (1L to 100L).map(i => (i, i)).toDF("id", "sc")
    val out = Layout.curriculumShards(df, col("id"), col("sc"), numShards = 4)
      .as[(Long, Long, Int)].collect().sortBy(_._1)
    assert(out.map(_._3).distinct.sorted.toSeq === Seq(0, 1, 2, 3))
    out.foreach { case (id, sc, shard) =>
      val expect = if (sc <= 25) 0 else if (sc <= 50) 1 else if (sc <= 75) 2 else 3
      assert(shard === expect, s"id $id score $sc")
    }
    // boundary duplicates: every copy of the cut value lands in ONE shard
    val dup = Seq.fill(40)(5L).zipWithIndex.map { case (s, i) => (i.toLong, s) } ++
      Seq((100L, 9L), (101L, 9L))
    val out2 = Layout.curriculumShards(dup.toDF("id", "sc"), col("id"),
        col("sc"), numShards = 2)
      .as[(Long, Long, Int)].collect()
    assert(out2.filter(_._2 == 5L).map(_._3).distinct.length === 1)
    val a = Layout.curriculumShards(df.repartition(9), col("id"), col("sc"),
        numShards = 4).as[(Long, Long, Int)].collect().sortBy(_._1).toSeq
    assert(a === out.toSeq)
  }

  test("curriculumShards: exact-regime agreement with the reference " +
      "discrete-quantile rule on seeded random multisets (ties included)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(120)
      val scores = Seq.fill(n)(rnd.nextInt(12).toLong) // heavy ties
      val df = scores.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "sc")
      val shards = 2 + rnd.nextInt(4)
      // reference: smallest value whose cumulative relative weight >= p
      // (the KLL exact-regime rule), boundary scores to the LOWER shard
      val sorted = scores.map(_.toDouble).sorted.toVector
      def disc(p: Double): Double =
        sorted.zipWithIndex.collectFirst {
          case (v, i) if (i + 1).toDouble / n >= p => v
        }.getOrElse(sorted.last)
      val cuts = (1 until shards).map(i => disc(i.toDouble / shards))
      val expect = scores.zipWithIndex.map { case (s, i) =>
        i.toLong -> cuts.count(c => s.toDouble > c)
      }.toMap
      val got = Layout.curriculumShards(df, col("id"), col("sc"), shards)
        .as[(Long, Long, Int)].collect().map(t => t._1 -> t._3).toMap
      assert(got === expect, s"trial $trial (n=$n shards=$shards)")
    }
  }
}
