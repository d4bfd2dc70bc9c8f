package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference of the exact integer recurrence. */
  private def ref(edges: Seq[(String, String, Long)], iters: Int,
      dampNum: Long = 17L, dampDen: Long = 20L,
      scale: Long = 1000000000L): Map[String, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val teleport = (dampDen - dampNum) * scale / dampDen
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val cs = edges.groupBy(_._2).view.mapValues(
        _.map { case (u, _, w) => r(u) * w / out(u) }.sum).toMap
      r = nodes.map(n =>
        n -> (teleport + dampNum * cs.getOrElse(n, 0L) / dampDen)).toMap
    }
    r
  }

  private def run(edges: Seq[(String, String, Long)], iters: Int)
      : Map[String, Long] =
    Graph.linkRank(edges.toDF("s", "d", "w"), col("s"), col("d"), col("w"),
        iters = iters)
      .as[(String, Long)].collect().toMap

  test("linkRank matches the integer recurrence on a hand graph") {
    // a->b (3), a->c (1), b->c (2), c->a (1): c is the flow concentrator
    val edges = Seq(("a", "b", 3L), ("a", "c", 1L), ("b", "c", 2L),
      ("c", "a", 1L))
    for (iters <- Seq(1, 3, 5)) {
      assert(run(edges, iters) === ref(edges, iters), s"iters=$iters")
    }
  }

  test("linkRank: a pure sink accumulates, a pure source keeps teleport+0") {
    val edges = Seq(("src", "sink", 5L), ("m", "sink", 5L), ("src", "m", 5L))
    val got = run(edges, 3)
    assert(got === ref(edges, 3))
    // nothing points at src: after iteration 1 its rank is exactly teleport
    assert(got("src") === 150000000L)
    assert(got("sink") > got("m") && got("m") > got("src"))
  }

  test("linkRank weights matter: heavier in-edge outranks lighter") {
    val edges = Seq(("a", "heavy", 9L), ("a", "light", 1L),
      ("heavy", "a", 1L), ("light", "a", 1L))
    val got = run(edges, 3)
    assert(got("heavy") > got("light"))
    assert(got === ref(edges, 3))
  }

  test("linkRank is partitioning-independent (exact integer arithmetic)") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)(
      (s"n${rnd.nextInt(40)}", s"n${rnd.nextInt(40)}", rnd.nextInt(9) + 1L))
      .filter(e => e._1 != e._2).distinct
    val df = edges.toDF("s", "d", "w")
    val a = Graph.linkRank(df, col("s"), col("d"), col("w"))
      .orderBy("node").as[(String, Long)].collect().toSeq
    val b = Graph.linkRank(df.repartition(11), col("s"), col("d"), col("w"))
      .orderBy("node").as[(String, Long)].collect().toSeq
    assert(a === b)
    assert(a.toMap === ref(edges, 3))
  }

  test("linkRank rejects bad iteration counts") {
    val df = Seq(("a", "b", 1L)).toDF("s", "d", "w")
    intercept[IllegalArgumentException] {
      Graph.linkRank(df, col("s"), col("d"), col("w"), iters = 0)
    }
  }
}
