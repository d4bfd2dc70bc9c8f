package graft.operators

import scala.util.Random
import org.apache.spark.sql.execution.ExplainMode
import graft.SparkSpec

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  test("rangeJoin left join keeps unmatched left rows (predicate inside the condition)") {
    val l = Seq((1L, 100L), (2L, 5000L)).toDF("id", "t") // id=2 matches no interval
    val r = Seq((10L, 90L, 110L)).toDF("win", "lo", "hi")
    val out = Joins.rangeJoin(l, r, "t", "lo", "hi", bucketWidth = 50, joinType = "left")
      .select("id", "t", "win").as[(Long, Long, Option[Long])]
      .collect().sortBy(_._1)
    assert(out === Array((1L, 100L, Some(10L)), (2L, 5000L, None)))
  }

  test("rangeJoin rejects join types that would duplicate rows") {
    val l = Seq((1L, 100L)).toDF("id", "t")
    val r = Seq((10L, 90L, 110L)).toDF("win", "lo", "hi")
    intercept[IllegalArgumentException] {
      Joins.rangeJoin(l, r, "t", "lo", "hi", bucketWidth = 50, joinType = "right")
    }
  }

  test("asofJoin picks the latest right row at-or-before each left time") {
    val left = Seq((1L, 10L, "e1"), (1L, 20L, "e2"), (1L, 5L, "e0"), (2L, 10L, "x"))
      .toDF("k", "t", "ev")
    val right = Seq((1L, 8L, "r8"), (1L, 10L, "r10"), (1L, 15L, "r15"), (3L, 1L, "zz"))
      .toDF("k", "rt", "rv")
    val nonStrict = Joins.asofJoin(left, right, "k", "t", "rt", "rv")
      .select("k", "t", "ev", "asof_value").as[(Long, Long, String, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(nonStrict === Array(
      (1L, 5L, "e0", null), // nothing at or before 5
      (1L, 10L, "e1", "r10"), // equal time counts
      (1L, 20L, "e2", "r15"),
      (2L, 10L, "x", null))) // no right rows for key 2
    val strict = Joins.asofJoin(left, right, "k", "t", "rt", "rv", strict = true)
      .select("k", "t", "asof_value").as[(Long, Long, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(strict === Array(
      (1L, 5L, null), (1L, 10L, "r8"), // equal time excluded
      (1L, 20L, "r15"), (2L, 10L, null)))
  }

  test("asofJoin plans exactly one shuffle (window on the key)") {
    val left = (1 to 100).map(i => (i.toLong % 5, i.toLong, i)).toDF("k", "t", "v")
    val right = (1 to 50).map(i => (i.toLong % 5, i.toLong * 2, s"r$i")).toDF("k", "rt", "rv")
    val plan = Joins.asofJoin(left, right, "k", "t", "rt", "rv")
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size <= 2, plan) // tree + details
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("rangeJoin equals the BETWEEN join, without a cartesian plan") {
    val rnd = new Random(17)
    val left = (1 to 300).map(i => (i, rnd.nextInt(1000).toLong)).toDF("id", "t")
    val right = (1 to 80).map { i =>
      val lo = rnd.nextInt(950).toLong
      (i, lo, lo + rnd.nextInt(120).toLong)
    }.toDF("rid", "lo", "hi")
    val expect = left.join(right, $"t" >= $"lo" && $"t" <= $"hi")
      .select("id", "rid").as[(Int, Int)].collect().sorted
    val got = Joins.rangeJoin(left, right, "t", "lo", "hi", bucketWidth = 64)
      .select("id", "rid").as[(Int, Int)].collect().sorted
    assert(got.toSeq === expect.toSeq)
    val plan = Joins.rangeJoin(left, right, "t", "lo", "hi", bucketWidth = 64)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }
}
